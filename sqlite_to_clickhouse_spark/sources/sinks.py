"""Batch sinks: parquet and JDBC/ClickHouse (reference R10/R11).

The reference creates ``ENGINE = ReplacingMergeTree ORDER BY tuple()``
tables (main.py:65-71) and bulk-inserts prepared row blocks
(main.py:169-173). Engine analogs:

- ``sink_parquet``: ``df.write.parquet`` — the warehouse-native path; at
  scale, partition-by columns give partition pruning to every downstream
  scan, and per-task parquet writers replace the reference's single
  synchronous INSERT loop.
- ``clickhouse_ddl`` / ``write_clickhouse``: the JDBC path with
  ``createTableOptions`` carrying the MergeTree engine clause. The
  reference discards primary keys and orders by tuple() (main.py:66,164);
  we default to the introspected pk so the Replacing dedup is meaningful.
  Idempotence: ReplacingMergeTree + insert-dedup makes retried batch
  writes last-write-wins, mirroring OPTIMIZE-forced merges (main.py:178).
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_SPARK_TO_CH: Dict[type, str] = {
    T.LongType: "Int64",
    T.IntegerType: "Int32",
    T.ShortType: "Int16",
    T.ByteType: "Int8",
    T.DoubleType: "Float64",
    T.FloatType: "Float32",
    T.StringType: "String",
    T.BooleanType: "Boolean",
    T.TimestampType: "DateTime",
    T.DateType: "Date",
    T.BinaryType: "String",
}


def clickhouse_type(dt: T.DataType) -> str:
    """Spark type → ClickHouse column type (inverse of the §1.2 map)."""
    for spark_t, ch in _SPARK_TO_CH.items():
        if isinstance(dt, spark_t):
            return ch
    if isinstance(dt, T.DecimalType):
        return f"Decimal({dt.precision}, {dt.scale})"
    return "String"


def clickhouse_ddl(
    table: str,
    schema: T.StructType,
    *,
    order_by: Optional[Sequence[str]] = None,
) -> str:
    """CREATE TABLE DDL with the reference's engine clause (main.py:64-71).

    ``order_by=None`` reproduces the reference's ``ORDER BY tuple()``
    (it passes primary_key=None at main.py:164); passing the pk columns
    gives ReplacingMergeTree a real dedup key. The table goes in the
    ``default`` database.
    """
    cols = ",\n  ".join(
        f"`{f.name}` {clickhouse_type(f.dataType)}" for f in schema.fields
    )
    order = ", ".join(order_by) if order_by else "tuple()"
    return (
        f"CREATE TABLE IF NOT EXISTS `default`.`{table}` (\n"
        f"  {cols}\n"
        f") ENGINE = ReplacingMergeTree()\nORDER BY ({order})"
    )


def engine_clause(order_by: Optional[Sequence[str]] = None) -> str:
    """The createTableOptions suffix Spark's JDBC writer appends to its own
    CREATE TABLE statement."""
    order = ", ".join(order_by) if order_by else "tuple()"
    return f"ENGINE = ReplacingMergeTree() ORDER BY ({order})"


def write_clickhouse(
    df: DataFrame,
    url: str,
    table: str,
    *,
    order_by: Optional[Sequence[str]] = None,
    batchsize: int = 100_000,
    properties: Optional[Dict[str, str]] = None,
) -> None:
    """JDBC bulk load (reference R11): partition-parallel batched inserts,
    appended to the table.

    Each Spark task inserts its partition with ``batchsize``-row prepared
    batches — the distributed analog of the reference's chunked
    client.execute loop (main.py:169-173, max_insert_block_size at
    main.py:14). Requires a ClickHouse JDBC driver on the classpath."""
    writer = (
        df.write.mode("append")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", "NONE")
        .option("createTableOptions", engine_clause(order_by))
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def sink_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: Optional[Sequence[str]] = None,
) -> None:
    """Parquet batch sink, overwriting ``path``. ``partition_by`` buys
    partition pruning for every downstream scan of the written dataset."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    *,
    sort_cols: Optional[Sequence[str]] = None,
    path: Optional[str] = None,
) -> None:
    """Bucketed warehouse table: rows hash-clustered (and optionally
    sorted) by the join/agg key at WRITE time.

    This is the 100 TB lever for repeated joins: two tables bucketed on
    the same key with the same bucket count join with NO Exchange on
    either side (and with sortBy, no Sort either — pure zip of buckets).
    You pay one shuffle once, at layout time, instead of per query;
    tests/test_bucketing.py asserts the exchange-free plan.

    ``path`` makes it an EXTERNAL bucketed table at that location instead
    of a managed table under the session warehouse dir. A fresh session's
    in-memory catalog does not know about a previous process's managed
    table files, so the overwrite cannot reclaim them and the
    write dies with LOCATION_ALREADY_EXISTS; a caller that re-creates
    its layout per run should pass a fresh ``path`` (and we drop any
    same-name catalog entry so the new location wins)."""
    if path is not None:
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table_name}")
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)
