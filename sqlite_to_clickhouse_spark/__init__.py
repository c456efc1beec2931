"""sqlite_to_clickhouse_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of the
reference ETL tool ``duyet/sqlite-to-clickhouse`` (``/root/reference/main.py``),
widened to the full analytics surface its ClickHouse sink implies plus the
LLM-data-pipeline operators (dedup, similarity search, multimodal columns,
text analysis) mandated for 100 TB scale.

Layout
------
- ``session``    SparkSession builder tuned for scale (AQE, Arrow, skew-join).
- ``registry``   central query registry: every operator registers a
                 ``(spark, sf_dir) -> DataFrame`` callable plus (when
                 SQL-expressible) a DuckDB oracle SQL string.
- ``io``         parquet table loaders for the driver fixture tables.
- ``typemap``    the reference's declared-type → Spark type mapping and cast
                 battery (reference main.py:81-136).
- ``operators``  relational operators (scan/filter/project, joins, aggregates,
                 windows, sort/set ops) + LLM-pipeline operators.
- ``functions``  scalar function families and the UDF surface.
- ``sources``    distributed SQLite source, parquet/JDBC sinks, migration.
- ``streaming``  Structured Streaming ops over the events table.
- ``plans``      imports every operator module so registration side effects
                 run; assembles ``queries()`` / ``oracle_sql()``.
"""

__version__ = "0.1.0"


def __getattr__(name):
    """Lazy re-exports of the library-level operator APIs (kept lazy so
    importing the package never forces a SparkSession or the full operator
    registry)."""
    _API = {
        "asof_join": "sqlite_to_clickhouse_spark.operators.joins",
        "salted_join": "sqlite_to_clickhouse_spark.operators.joins",
        "minhash_lsh_pairs": "sqlite_to_clickhouse_spark.operators.dedup",
        "minhash_index_build": "sqlite_to_clickhouse_spark.operators.dedup",
        "minhash_index_append": "sqlite_to_clickhouse_spark.operators.dedup",
        "minhash_index_dedup": "sqlite_to_clickhouse_spark.operators.dedup",
        "minhash_index_compact": "sqlite_to_clickhouse_spark.operators.dedup",
        "minhash_index_delete": "sqlite_to_clickhouse_spark.operators.dedup",
        "connected_components": "sqlite_to_clickhouse_spark.operators.dedup",
        "blocked_name_pairs": "sqlite_to_clickhouse_spark.operators.entity",
        "er_entity_map": "sqlite_to_clickhouse_spark.operators.entity",
        "er_index_build": "sqlite_to_clickhouse_spark.operators.entity",
        "er_index_entities": "sqlite_to_clickhouse_spark.operators.entity",
        "er_index_match": "sqlite_to_clickhouse_spark.operators.entity",
        "er_index_append": "sqlite_to_clickhouse_spark.operators.entity",
        "er_index_delete": "sqlite_to_clickhouse_spark.operators.entity",
        "er_index_compact": "sqlite_to_clickhouse_spark.operators.entity",
        "manifest_commit": "sqlite_to_clickhouse_spark.io",
        "manifest_read": "sqlite_to_clickhouse_spark.io",
        "manifest_append": "sqlite_to_clickhouse_spark.io",
        "manifest_versions": "sqlite_to_clickhouse_spark.io",
        "read_relation": "sqlite_to_clickhouse_spark.io",
        "topk_cosine": "sqlite_to_clickhouse_spark.operators.similarity",
        "ivf_topk": "sqlite_to_clickhouse_spark.operators.similarity",
        "ivfpq_topk": "sqlite_to_clickhouse_spark.operators.similarity",
        "ann_index_build": "sqlite_to_clickhouse_spark.operators.similarity",
        "ann_index_query": "sqlite_to_clickhouse_spark.operators.similarity",
        "ann_index_append": "sqlite_to_clickhouse_spark.operators.similarity",
        "ann_index_delete": "sqlite_to_clickhouse_spark.operators.similarity",
        "ann_index_compact": "sqlite_to_clickhouse_spark.operators.similarity",
        "pq_encode": "sqlite_to_clickhouse_spark.operators.similarity",
        "pca_components": "sqlite_to_clickhouse_spark.operators.similarity",
        "train_sample": "sqlite_to_clickhouse_spark.operators.similarity",
        "l2_normalize": "sqlite_to_clickhouse_spark.operators.similarity",
        "weighted_quantiles": "sqlite_to_clickhouse_spark.operators.aggregates",
        "pagerank": "sqlite_to_clickhouse_spark.operators.graph",
        "triangle_stats": "sqlite_to_clickhouse_spark.operators.graph",
        "replacing_dedup": "sqlite_to_clickhouse_spark.migrate",
        "migrate_sqlite": "sqlite_to_clickhouse_spark.migrate",
        "read_sqlite": "sqlite_to_clickhouse_spark.sources.sqlite",
        "write_bucketed": "sqlite_to_clickhouse_spark.sources.sinks",
        "write_clickhouse": "sqlite_to_clickhouse_spark.sources.sinks",
        "sink_parquet": "sqlite_to_clickhouse_spark.sources.sinks",
        "get_spark": "sqlite_to_clickhouse_spark.session",
    }
    if name in _API:
        import importlib

        return getattr(importlib.import_module(_API[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
