"""ETL source/sink/migration queries (SURVEY.md §2b: scan_jdbc,
sink_parquet, sink_jdbc_clickhouse + the full R1→R15 migration pipeline).

The driver fixtures are parquet-only, so the SQLite-side ops stage a real
SQLite database in /tmp (built once per fixture version from the same
parquet the oracle reads) and run the genuine extract path against it —
catalog, PRAGMA introspection, partitioned ranged reads, cast battery, pk
dedup.
What is asserted is therefore the whole migration pipeline's semantics:
SQLite values in, oracle-identical typed rows out.
"""

from __future__ import annotations

import os
import sqlite3

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sqlite_to_clickhouse_spark import io as gio
from sqlite_to_clickhouse_spark.io import TABLES, table
from sqlite_to_clickhouse_spark.migrate import migrate_sqlite, replacing_dedup
from sqlite_to_clickhouse_spark.registry import register
from sqlite_to_clickhouse_spark.sources import sinks
from sqlite_to_clickhouse_spark.sources.sqlite import read_sqlite

# Fixture tables staged into SQLite, with their declared-type DDL (the
# §1.2 map inverse) and primary keys. customer exercises INTEGER/TEXT/REAL;
# orders adds a DATETIME column travelling as text.
_SQLITE_DDL = {
    "customer": (
        "CREATE TABLE customer ("
        "c_custkey INTEGER PRIMARY KEY, c_name TEXT, c_nationkey INTEGER, "
        "c_acctbal REAL, c_mktsegment TEXT)"
    ),
    "nation": (
        "CREATE TABLE nation ("
        "n_nationkey INTEGER PRIMARY KEY, n_name TEXT, n_regionkey INTEGER)"
    ),
}


def _stage_sqlite(sf_dir: str) -> str:
    """A SQLite db holding customer+nation copied from the fixture
    parquet, with ~100 duplicate customer rows re-inserted so the
    migration path has real last-write-wins work (staged once per
    fixture version, io.staged)."""

    def write(path: str) -> None:
        con = sqlite3.connect(path)
        try:
            for t, ddl in _SQLITE_DDL.items():
                con.execute(ddl)
                rows = pq.read_table(f"{sf_dir}/{t}.parquet").to_pylist()
                if not rows:
                    # Empty source table: the DDL alone is the staging (an
                    # INSERT with zero columns is a SQLite syntax error even
                    # under executemany-with-no-rows, which prepares first).
                    continue
                cols = list(rows[0])
                placeholders = ", ".join("?" for _ in cols)
                stmt = f"INSERT OR REPLACE INTO {t} ({', '.join(cols)}) VALUES ({placeholders})"
                con.executemany(stmt, [[r[c] for c in cols] for r in rows])
                if t == "customer":
                    # Re-insert the first 100 rows. INSERT OR REPLACE gives the
                    # replacements fresh (higher) rowids, so the migration's
                    # last-write-wins-by-rowid dedup sees realistic version
                    # churn while the final value set stays oracle-identical.
                    con.executemany(stmt, [[r[c] for c in cols] for r in rows[:100]])
            con.commit()
        finally:
            con.close()

    return gio.staged("stage_sqlite", sf_dir, tuple(_SQLITE_DDL), "stage.db", write)


_CUSTOMER_ORACLE = """
    SELECT c_custkey, c_name,
           COALESCE(c_nationkey, 0)          AS c_nationkey,
           COALESCE(c_acctbal, 0.0)          AS c_acctbal,
           c_mktsegment
    FROM customer
"""
# COALESCE mirrors the migration's documented null-defaulting (the
# reference's per-row coercion, typemap.py / main.py:87,93): numeric NULL
# becomes 0 through the SQLite→engine path, string NULL stays NULL. The
# oracle reads the fixture parquet directly, so it must apply the same
# defaulting the migration applies.


@register("scan_jdbc", oracle=_CUSTOMER_ORACLE, tags=("source", "etl"))
def scan_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned SQLite extract (reference R3/R4) through the JDBC-shaped
    ranged read + cast battery (R5-R8): the mapInPandas extractor issues
    one rowid-range query per partition executor-side. Up to 8 concurrent
    range scans, no driver-side collection, coercion in one codegen'd
    projection.
    """
    db = _stage_sqlite(sf_dir)
    return read_sqlite(spark, db, "customer", num_partitions=8)


@register(
    "sink_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           FLOOR(l_extendedprice * (1 - l_discount) * 100) / 100 AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    """,
    tags=("sink", "etl"),
)
def sink_parquet_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch parquet load (reference R11's warehouse analog): write the
    projection to a parquet dataset, read it back, return the scan — the
    assertion covers the full write+read round trip, not just the plan."""
    li = table(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            (F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100) / 100).alias(
                "net_price"
            ),
        )
    )
    path = os.path.join(gio.tempdir("sink_parquet_"), "out")
    sinks.sink_parquet(out, path, partition_by=["l_returnflag"])
    # Explicit schema on read-back: an EMPTY write leaves no data files
    # to infer from (only _SUCCESS), and empty inputs must round-trip to
    # empty results, not UNABLE_TO_INFER_SCHEMA.
    got = spark.read.schema(out.schema).parquet(path)
    # partitionBy moves the column to directory keys; restore column order
    # and the original long/string types lost to partition-path encoding.
    return got.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
        "net_price",
    )


@register("sink_jdbc_clickhouse", oracle=None, tags=("sink", "etl"))
def sink_jdbc_clickhouse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse JDBC sink manifest (⊘ — no live ClickHouse in the
    harness): for every fixture table, the exact DDL (reference R10,
    main.py:56-73) and createTableOptions engine clause the write path
    (sources.sinks.write_clickhouse) would issue, derived from the real
    Spark schemas. Rows-only checked; the write path itself is exercised
    against parquet in sink_parquet / migrate_sqlite_roundtrip."""
    rows = []
    for t in TABLES:
        schema = table(spark, sf_dir, t).schema
        rows.append(
            (
                t,
                sinks.clickhouse_ddl(t, schema),
                sinks.engine_clause(),
                len(schema.fields),
            )
        )
    return spark.createDataFrame(
        rows, "table_name: string, ddl: string, engine_clause: string, n_cols: int"
    )


@register("migrate_sqlite_roundtrip", oracle=_CUSTOMER_ORACLE, tags=("etl",))
def migrate_sqlite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole job end-to-end (R1→R15): stage SQLite → catalog
    scan → PRAGMA schema → partitioned extract → cast battery → pk dedup
    (last-write-wins by rowid, ReplacingMergeTree semantics) → parquet sink
    → read back. The oracle sees the original parquet, so the assertion is
    that a full migration is value-lossless modulo the documented
    coercions."""
    db = _stage_sqlite(sf_dir)
    out_dir = gio.tempdir("migrate_out_")
    reports = migrate_sqlite(spark, db, out_dir, tables=["customer", "nation"])
    assert reports["customer"].deduped and reports["customer"].pk == ["c_custkey"]
    return spark.read.parquet(reports["customer"].target).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


def _stage_format(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """The nation fixture written out as CSV/JSON/ORC (staged once per
    fixture version, io.staged) — the staged copy is what
    scan_csv/scan_json/scan_orc read back, so the op covers the full
    write+read round trip of the format."""

    def write(path: str) -> None:
        w = table(spark, sf_dir, "nation").write.mode("overwrite")
        if fmt == "csv":
            w.option("header", "true").csv(path)
        elif fmt == "orc":
            w.orc(path)
        else:
            w.json(path)

    return gio.staged(f"stage_{fmt}", sf_dir, ("nation",), "nation", write)


_NATION_ORACLE = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


@register("scan_csv", oracle=_NATION_ORACLE, tags=("source", "etl"))
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with an explicit schema (never inferSchema at scale —
    inference is a full extra pass over the files). Header + typed read
    back of the staged CSV copy of nation."""
    path = _stage_format(spark, sf_dir, "csv")
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("header", "true")
        .csv(path)
    )


@register("scan_json", oracle=_NATION_ORACLE, tags=("source", "etl"))
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with an explicit schema (same rule: schema
    inference is an extra full scan; at 100 TB always declare)."""
    path = _stage_format(spark, sf_dir, "json")
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .json(path)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register("scan_orc", oracle=_NATION_ORACLE, tags=("source", "etl"))
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round trip. ORC carries its own schema and, like
    parquet, supports predicate pushdown + column pruning at the scan —
    the second columnar interchange format the engine speaks."""
    path = _stage_format(spark, sf_dir, "orc")
    return spark.read.orc(path).select("n_nationkey", "n_name", "n_regionkey")


@register("scan_text_lines", oracle=_NATION_ORACLE, tags=("source", "etl"))
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text line source (``spark.read.text``) — the last built-in
    file format the engine speaks (parquet/orc/csv/json/jdbc/binaryFile
    are covered by their own scan_* ops). The raw-log ingestion shape:
    each line is one record, parsing is an explicit projection (split +
    casts) that stays in whole-stage codegen rather than a per-row
    Python loop. Round trip: nation is staged as pipe-delimited lines
    once per fixture version (io.staged), read back as `value: string`,
    and re-typed."""

    def write(path: str) -> None:
        table(spark, sf_dir, "nation").select(
            F.concat_ws(
                "|",
                F.col("n_nationkey").cast("string"),
                F.col("n_name"),
                F.col("n_regionkey").cast("string"),
            ).alias("value")
        ).write.mode("overwrite").text(path)

    path = gio.staged("stage_text", sf_dir, ("nation",), "nation", write)
    parts = F.split(F.col("value"), "\\|")
    return spark.read.text(path).select(
        parts.getItem(0).cast("int").alias("n_nationkey"),
        parts.getItem(1).alias("n_name"),
        parts.getItem(2).cast("int").alias("n_regionkey"),
    )


# Declared schema for the partitioned-orders staging read-backs: an empty
# write leaves nothing to infer from, and schema inference on a big
# partitioned layout costs a file-listing sample anyway.
_PART_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
    "o_orderpriority string"
)


def _staged_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders fixture staged as a Hive layout partitioned by
    o_orderpriority (once per fixture version, io.staged), read with the
    declared schema."""

    def write(path: str) -> None:
        (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(path)
        )

    path = gio.staged("stage_part", sf_dir, ("orders",), "orders", write)
    return spark.read.schema(_PART_SCHEMA).parquet(path)


@register(
    "sink_partitioned_parquet",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("sink", "etl"),
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-pruned read-back: write
    orders partitioned by o_orderpriority, then read ONE partition back via
    a filter on the partition column. The filter resolves against directory
    names (PartitionFilters in the plan — asserted in tests/test_plans.py),
    so the scan never opens the other partitions' files. This layout is the
    100 TB table-organization primitive: low-cardinality key -> directories,
    pruning makes per-key queries O(selected partition)."""
    got = _staged_orders(spark, sf_dir).filter(F.col("o_orderpriority") == "1-URGENT")
    return got.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("o_orderpriority").cast("string").alias("o_orderpriority"),
    )


@register(
    "sink_partition_overwrite_dynamic",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
           o_orderpriority
    FROM orders
    """,
    tags=("sink", "etl"),
)
def sink_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent daily-backfill
    primitive at 100 TB: re-running one day's batch must replace exactly
    that day's partition directory and leave every sibling untouched.
    With the writer option ``partitionOverwriteMode=dynamic`` (set per
    write: the session conf is shared by every ``io.run_jobs`` thread) a
    ``mode("overwrite")`` write replaces ONLY the partitions present in
    the incoming DataFrame (here the '1-URGENT' slice, restated with a
    +1000 price correction); under the default STATIC mode the same
    write would delete the whole table first — the classic
    lost-partitions production incident. The oracle states the merged
    end state: corrected urgent rows + untouched other priorities.
    The +1000 correction is a single exact double add (1000 is exactly
    representable), so no rounding normalization is needed.
    """
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    o = table(spark, sf_dir, "orders").select(*cols)
    path = os.path.join(gio.tempdir("part_dyn_"), "orders")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    corrected = o.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderpriority")
        .parquet(path)
    )
    got = spark.read.schema(_PART_SCHEMA).parquet(path)
    return got.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("o_orderpriority").cast("string").alias("o_orderpriority"),
    )


@register(
    "merge_upsert",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
                THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
           CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
                THEN 'update' ELSE 'base' END AS src
    FROM orders
    """,
    tags=("etl",),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style MERGE/upsert (the batch form of the reference's
    ReplacingMergeTree last-write-wins contract, main.py:65,178): a base
    table unioned with a ~10% update batch (deterministic md5 slice, price
    bumped, higher version), then one row per key keeping the max version
    (``migrate.replacing_dedup``, the rule the SQLite migration applies).
    The union is shuffle-free; the only exchange is the per-key window —
    the same single-shuffle shape MERGE INTO compiles to on any engine.
    The oracle states the post-merge truth directly (updated keys carry
    the new price), so the whole union+version+dedup path is verified."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    sel = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "1a"
    base = o.select("o_orderkey", "o_totalprice", F.lit(0).alias("v"))
    upd = o.filter(sel).select(
        "o_orderkey", (F.col("o_totalprice") + 1000).alias("o_totalprice"), F.lit(1).alias("v")
    )
    merged = base.unionByName(upd)
    return replacing_dedup(merged, ["o_orderkey"], "v").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("v") == 1, "update").otherwise("base").alias("src"),
    )


def _catalog_oracle() -> str:
    parts = [
        f"SELECT '{t}' AS table_name,"
        f" (SELECT count(*) FROM (DESCRIBE SELECT * FROM {t})) AS n_cols,"
        f" (SELECT count(*) FROM {t}) AS n_rows"
        for t in TABLES
    ]
    return " UNION ALL ".join(parts)


@register("catalog_scan", oracle=_catalog_oracle(), tags=("source", "etl"))
def catalog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog + schema introspection as a query (reference R1/R2/R12,
    main.py:118-145): every fixture table with its column count and row
    count. The counts are distributed parquet-metadata scans (a parquet
    count reads footers, not data) unioned into one result — nothing is
    collected driver-side."""
    per_table = [
        table(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"),
            F.lit(len(table(spark, sf_dir, t).columns)).cast("long").alias("n_cols"),
            F.count("*").alias("n_rows"),
        )
        for t in TABLES
    ]
    out = per_table[0]
    for df in per_table[1:]:
        out = out.unionByName(df)
    return out


@register(
    "join_dynamic_partition_pruning",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
    tags=("join", "etl"),
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the Hive-partitioned
    orders layout (staged by sink_partitioned_parquet), the dim side is a
    tiny priority dimension filtered at runtime (urgency <= 2). Catalyst
    reuses the broadcast dim as a pruning subquery on the partition
    column (dynamicpruningexpression in PartitionFilters — asserted in
    tests/test_plans.py), so only 2 of 5 partition directories are read.
    At 100 TB this is THE mechanism that turns dim-filtered star joins
    into partial-table scans."""
    fact = _staged_orders(spark, sf_dir)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
         ("4-NOT SPECIFIED", 4), ("5-LOW", 5)],
        "pri: string, urgency: int",
    ).filter(F.col("urgency") <= 2)
    return (
        fact.join(F.broadcast(dim), fact["o_orderpriority"] == dim["pri"])
        .groupBy(F.col("o_orderpriority").cast("string").alias("o_orderpriority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
    )


@register(
    "scan_range",
    oracle="""
    SELECT range AS id,
           range * range AS sq,
           range % 7 AS bucket
    FROM range(100000)
    """,
    tags=("source", "etl"),
)
def scan_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic range source (spark.range / DuckDB range() — ClickHouse
    system.numbers): the generator every backfill and synthetic-data job
    starts from. Partitioned generation, no driver materialization."""
    return spark.range(0, 100_000).select(
        F.col("id"),
        (F.col("id") * F.col("id")).alias("sq"),
        (F.col("id") % 7).alias("bucket"),
    )


@register(
    "maintenance_delete_rows",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE NOT substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '0d'
    """,
    tags=("etl", "maintenance"),
)
def maintenance_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted row deletion (GDPR/right-to-be-forgotten shape): a ~5%
    delete-set keyed by hash slice, removed via left-anti join, rewritten,
    read back. At 100 TB the anti join is the only scalable delete: the
    delete-set shuffles (or broadcasts — it is small by nature), the base
    table streams through, and the rewrite is partition-scoped in a real
    layout. The round trip is asserted, not just the plan."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    dels = o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "0d"
    ).select("o_orderkey")
    remaining = o.join(F.broadcast(dels), "o_orderkey", "left_anti")
    path = os.path.join(gio.tempdir("delete_rows_"), "orders")
    remaining.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey,
           'v1' AS batch
    FROM nation
    UNION ALL
    SELECT n_nationkey, CAST(NULL AS VARCHAR), n_regionkey, 'v2'
    FROM nation
    """,
    tags=("source", "etl"),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file batches: batch v1 lacks n_regionkey,
    batch v2 lacks n_name; mergeSchema unions the schemas and
    null-extends each batch — the lakehouse answer to drifting producers.
    mergeSchema costs a footer read per file, so production pins the
    merged schema in a metastore; the per-read merge is the
    exploration-time path."""
    n = table(spark, sf_dir, "nation")
    base = gio.tempdir("schema_evo_")
    n.select("n_nationkey", "n_name", F.lit("v1").alias("batch")).write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "b1"))
    n.select("n_nationkey", "n_regionkey", F.lit("v2").alias("batch")).write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "b2"))
    got = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "b1"), os.path.join(base, "b2")
    )
    return got.select("n_nationkey", "n_name", "n_regionkey", "batch")


@register(
    "sink_sorted_clustered",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 200
    """,
    tags=("sink", "etl"),
)
def sink_sorted_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered, sorted parquet layout: repartitionByRange on the
    cluster key + sortWithinPartitions before writing, so each file holds
    a tight o_custkey range and parquet row-group min/max stats let a key
    filter skip most of the table (the poor man's Z-order; one dimension
    is just range clustering). The read-back filter is answered from a
    fraction of the files — the layout primitive for key-range analytics
    at 100 TB."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    path = os.path.join(gio.tempdir("sorted_clustered_"), "orders")
    (
        o.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey", "o_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path).filter(
        F.col("o_custkey").between(100, 200)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "merge_scd2",
    oracle="""
    WITH versions AS (
        SELECT o_orderkey, o_totalprice, 1 AS ver,
               TIMESTAMP '2024-01-01 00:00:00' AS eff_ts
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_totalprice * 1.1, 2 AS ver,
               TIMESTAMP '2024-06-01 00:00:00' AS eff_ts
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '40'
    )
    SELECT o_orderkey,
           FLOOR(o_totalprice * 100) / 100 AS price,
           eff_ts AS valid_from,
           lead(eff_ts) OVER (PARTITION BY o_orderkey ORDER BY ver)
               AS valid_to,
           CAST(lead(eff_ts) OVER (PARTITION BY o_orderkey ORDER BY ver)
                IS NULL AS BOOLEAN) AS is_current
    FROM versions
    """,
    tags=("etl", "cdc"),
)
def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: fold a change batch (~25% of
    keys get a new price version) into a versioned history where each row
    carries [valid_from, valid_to) and the open-ended row is flagged
    current. valid_to is simply lead(valid_from) per key — one window
    over the union, no self-join. This is how a warehouse keeps
    point-in-time joins (join_asof consumes exactly this shape). One
    shuffle on the business key; at 100 TB the union reads base +
    changes once each and the window state is per-key-tiny."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = o.select(
        "o_orderkey",
        "o_totalprice",
        F.lit(1).alias("ver"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("eff_ts"),
    )
    changed = (
        o.filter(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "40")
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
            F.lit(2).alias("ver"),
            F.lit("2024-06-01 00:00:00").cast("timestamp").alias("eff_ts"),
        )
    )
    w = Window.partitionBy("o_orderkey").orderBy("ver")
    return (
        base.unionByName(changed)
        .select(
            "o_orderkey",
            (F.floor(F.col("o_totalprice") * 100) / 100).alias("price"),
            F.col("eff_ts").alias("valid_from"),
            F.lead("eff_ts").over(w).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


@register(
    "etl_surrogate_keys",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || ':'
                                       || CAST(l_linenumber AS VARCHAR)),
                                   1, 15)) AS BIGINT) AS sk,
           CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
                AS BIGINT) AS part_sk
    FROM lineitem
    """,
    tags=("etl",),
)
def etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate keys: 60-bit longs from md5 over the
    (composite) business key. monotonically_increasing_id() is the
    tempting alternative and is WRONG for warehouse keys — it depends on
    partition layout, so a retry or repartition mints different ids;
    hash keys are stable across engines, runs, and backfills (same trick
    keys the minhash band join). 60 bits keeps the value inside an exact
    BIGINT/double range on every engine; collision odds at 10^10 rows are
    ~3% (birthday bound) — go to 120 bits (two longs) past that."""
    li = table(spark, sf_dir, "lineitem")
    sk = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    psk = F.conv(
        F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return li.select(
        "l_orderkey", "l_linenumber", sk.alias("sk"), psk.alias("part_sk")
    )


@register(
    "maintenance_compact_files",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
    tags=("etl", "maintenance"),
)
def maintenance_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the #1 operational chore of a streaming
    ingest at 100 TB: thousands of KB-sized files per partition destroy
    scan throughput via per-file open/footer costs and task scheduling
    overhead). A year slice of lineitem is first written as 64 tiny
    files (simulating micro-batch ingest), then compacted by rewriting
    with a row-group-sized target; the returned aggregate is computed
    from the COMPACTED copy, so the differential gate proves the rewrite
    is content-preserving — the property a compaction job must never
    silently break.

    The compaction itself is repartition-by-nothing-smart: a plain
    rewrite sized by maxRecordsPerFile. In a partitioned production
    layout the same rewrite runs per partition, embarrassingly parallel;
    file-count collapse (64 → few) is asserted in tests/test_etl.py."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    base = gio.tempdir("compact_")
    small = os.path.join(base, "small")
    compacted = os.path.join(base, "compacted")
    li.repartition(64).write.mode("overwrite").parquet(small)
    (
        spark.read.parquet(small)
        .repartition(2)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 500_000)
        .parquet(compacted)
    )
    out = spark.read.parquet(compacted)
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
            "price_cents"
        ),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "migrate_verify_diff",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
               substr(md5(CAST(o_orderkey AS STRING)), 1, 2) AS h
        FROM orders
    ),
    migrated AS (
        SELECT o_orderkey,
               CASE WHEN h >= '08' AND h < '10' THEN cents + 100
                    ELSE cents END AS cents
        FROM base WHERE h >= '08'
        UNION ALL
        SELECT o_orderkey + 100000000, cents FROM base WHERE h >= 'f8'
    ),
    diff AS (
        SELECT CASE
                   WHEN m.o_orderkey IS NULL THEN 'missing_in_target'
                   WHEN b.o_orderkey IS NULL THEN 'extra_in_target'
                   WHEN b.cents <> m.cents   THEN 'changed'
                   ELSE 'equal'
               END AS status,
               COALESCE(abs(b.cents - m.cents), 0) AS delta
        FROM base b
        FULL OUTER JOIN migrated m ON b.o_orderkey = m.o_orderkey
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(delta) AS BIGINT) AS abs_delta_cents
    FROM diff
    GROUP BY status
    """,
    tags=("etl", "migrate", "maintenance"),
)
def migrate_verify_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration reconciliation — the verification step every
    source→warehouse migration (the reference's whole job,
    /root/reference/main.py:139-181) needs but the reference never runs:
    key-level full-outer diff of source vs migrated copy, classifying
    every key as equal / changed / missing_in_target / extra_in_target
    with the absolute value drift. The "migrated" side here is a
    deterministic corruption of orders (3% dropped, 3% value-shifted,
    3% spurious extra keys by md5 slice), round-tripped through a real
    parquet sink so the comparison reads what a target would actually
    contain.

    The diff is ONE full-outer hash join on the key with both sides
    reduced to (key, comparison-cents) first — at 100 TB you shuffle
    16 bytes/row, not the row; comparing on exact integer cents makes
    'changed' engine-exact. Per-column diffs generalize by packing more
    comparison hashes into the slim projection, not by hauling rows."""
    o = table(spark, sf_dir, "orders")
    h = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
    base = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        h.alias("h"),
    )
    kept = base.filter(F.col("h") >= "08").select(
        "o_orderkey",
        F.when(
            (F.col("h") >= "08") & (F.col("h") < "10"), F.col("cents") + 100
        )
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    extra = base.filter(F.col("h") >= "f8").select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"), "cents"
    )
    path = os.path.join(gio.tempdir("verify_diff_"), "orders")
    kept.unionByName(extra).write.mode("overwrite").parquet(path)
    m = spark.read.parquet(path)

    b = base.select("o_orderkey", "cents").alias("b")
    mm = m.alias("m")
    status = (
        F.when(F.col("m.o_orderkey").isNull(), "missing_in_target")
        .when(F.col("b.o_orderkey").isNull(), "extra_in_target")
        .when(F.col("b.cents") != F.col("m.cents"), "changed")
        .otherwise("equal")
    )
    delta = F.coalesce(
        F.abs(F.col("b.cents") - F.col("m.cents")), F.lit(0)
    )
    return (
        b.join(mm, F.col("b.o_orderkey") == F.col("m.o_orderkey"), "full_outer")
        .select(status.alias("status"), delta.alias("delta"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("delta").alias("abs_delta_cents"),
        )
    )


@register(
    "maintenance_analyze_stats",
    oracle="""
    SELECT 'l_quantity' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(l_quantity) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
           CAST(min(l_quantity) AS DOUBLE) AS min_num,
           CAST(max(l_quantity) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_extendedprice) AS BIGINT),
           CAST(count(DISTINCT l_extendedprice) AS BIGINT),
           CAST(min(l_extendedprice) AS DOUBLE),
           CAST(max(l_extendedprice) AS DOUBLE), NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_returnflag) AS BIGINT),
           CAST(count(DISTINCT l_returnflag) AS BIGINT),
           NULL, NULL,
           CAST(min(l_returnflag) AS VARCHAR),
           CAST(max(l_returnflag) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(l_shipdate) AS BIGINT),
           CAST(count(DISTINCT l_shipdate) AS BIGINT),
           NULL, NULL,
           CAST(min(l_shipdate) AS VARCHAR),
           CAST(max(l_shipdate) AS VARCHAR)
    FROM lineitem
    """,
    tags=("etl", "maintenance"),
)
def maintenance_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics — row count, null count, exact
    NDV, min/max — the inputs a cost-based optimizer (or ClickHouse's
    ``system.columns`` consumer) reads off a freshly-migrated table. One
    row per profiled column; numeric bounds in typed columns, low-cardinality
    and temporal bounds rendered as strings.

    Each column's profile is ONE pass of partial aggregates (the exact
    NDVs are per-column hash aggregates — at 100 TB you'd flip them to
    approx_count_distinct; the exact form is kept because the oracle gate
    needs determinism and the plan shape is identical). The four profiles
    scan the same cached relation; Catalyst collapses min/max/count into a
    single Aggregate per column."""
    li = table(spark, sf_dir, "lineitem")

    def _num(col: str) -> DataFrame:
        return li.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("ndv"),
            F.min(col).cast("double").alias("min_num"),
            F.max(col).cast("double").alias("max_num"),
            F.lit(None).cast("string").alias("min_str"),
            F.lit(None).cast("string").alias("max_str"),
        )

    def _str(col: str) -> DataFrame:
        return li.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
            F.countDistinct(col).alias("ndv"),
            F.lit(None).cast("double").alias("min_num"),
            F.lit(None).cast("double").alias("max_num"),
            F.min(col).cast("string").alias("min_str"),
            F.max(col).cast("string").alias("max_str"),
        )

    return (
        _num("l_quantity")
        .unionByName(_num("l_extendedprice"))
        .unionByName(_str("l_returnflag"))
        .unionByName(_str("l_shipdate"))
    )


_SINK_TEXT_ORACLE = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    WHERE o_totalprice > 100000
"""


def _sink_text_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared projection for the text-format sink round trips: numeric +
    string columns plus a timestamp pre-rendered to an explicit pattern
    (text formats have no timestamp type; an explicit ``date_format``
    keeps the rendering engine-independent instead of trusting each
    engine's default timestamp-to-string spelling)."""
    o = table(spark, sf_dir, "orders")
    return o.filter(F.col("o_totalprice") > 100000).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


@register("sink_csv_roundtrip", oracle=_SINK_TEXT_ORACLE, tags=("sink", "etl"))
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV batch sink + scan round trip (the interchange-format path a
    warehouse export uses when parquet isn't an option).  The read-back
    supplies the schema explicitly — CSV carries none — so the comparison
    asserts value fidelity through the text encoding, not schema
    inference luck.  Doubles survive because Spark writes shortest
    round-trippable decimal text (Java ``Double.toString``).  The write
    is one narrow pass per partition; no shuffle either direction."""
    out = _sink_text_projection(spark, sf_dir)
    path = os.path.join(gio.tempdir("sink_csv_"), "out")
    out.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(out.schema).option("header", True).csv(path)


@register("sink_json_roundtrip", oracle=_SINK_TEXT_ORACLE, tags=("sink", "etl"))
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines batch sink + scan round trip — same contract as the CSV
    path but through the self-describing format (each line carries keys,
    so nullable columns and column order are preserved without a header).
    Explicit schema on read-back for the same reason: inference samples
    the data and can narrow types run-to-run."""
    out = _sink_text_projection(spark, sf_dir)
    path = os.path.join(gio.tempdir("sink_json_"), "out")
    out.write.mode("overwrite").json(path)
    return spark.read.schema(out.schema).json(path)


_TTL_KEEP_MONTHS = 12

# maintenance_partition_compact: months newer than this stay uncompacted.
_HOT_MONTHS = 6


# The table-format ops below (time travel, vacuum, partition compaction,
# shallow clone) keep one table per store root: its rows are the relation
# ``data`` of the io.py manifest protocol, and every snapshot is published
# by ``_append``.
def _append(root: str, df: DataFrame, *, replace: bool = False, by: "str | None" = None) -> str:
    """Write ``df`` into ``root/data`` and publish the new files as one
    snapshot (``gio.manifest_append``); returns its version.  The files
    join the current snapshot's, or with ``replace`` take their place (a
    compaction).  ``by``: the partition column of the write."""
    w = df.write.mode("append")
    if by is not None:
        w = w.partitionBy(by)
    rel = ["data"]
    with gio.manifest_append(root, [] if replace else rel, replace=rel if replace else ()):
        w.parquet(os.path.join(root, "data"))
    return gio.manifest_current(root)


def _snapshot(
    spark: SparkSession, root: str, version: str, schema: StructType, *, partitioned: bool = False
) -> DataFrame:
    """One committed version of ``root``'s table, read through its
    manifest.  A snapshot of an empty table lists no files and reads as an
    empty frame of ``schema``.  ``partitioned``: each row's partition
    column comes from its file's ``key=value`` directory."""
    df = gio.read_relation(spark, root, "data", schema, partitioned=partitioned, version=version)
    return df if df is not None else spark.createDataFrame([], schema)


def _order_totals(df: DataFrame, *keys: str) -> DataFrame:
    """``n_orders`` and ``total_price`` of ``df`` per ``keys`` (one row for
    the whole frame when there are none).  Money sums go through exact
    integer cents in a decimal(38,0) accumulator, cast to double only at
    the end: no overflow at ±1e17-cent extremes, and the total is
    fold-order-free -- a raw double SUM diverged from DuckDB under the
    extreme-numerics mutant (catastrophic absorption orders differently
    across engines)."""
    cents = F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(cents).cast("double") / 100, 2).alias("total_price"),
    )


_TTL_ORACLE = f"""
    WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
    cutoff AS (
        SELECT strftime(m - INTERVAL {_TTL_KEEP_MONTHS - 1} MONTH, '%Y-%m') AS c
        FROM mx
    )
    SELECT strftime(o_orderdate, '%Y-%m') AS ym,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS total_price
    FROM orders, cutoff
    WHERE strftime(o_orderdate, '%Y-%m') >= c
    GROUP BY 1
"""


@register("maintenance_ttl_partition_drop", oracle=_TTL_ORACLE, tags=("etl", "maintenance"))
def maintenance_ttl_partition_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``TTL ... DELETE`` at partition granularity — the way a
    100 TB event store actually expires data: the table is laid out
    partitioned by month, and expiry DROPS WHOLE PARTITION DIRECTORIES
    (an O(1)-per-partition metadata/filesystem operation) instead of
    anti-joining and rewriting rows the way maintenance_delete_rows
    must for arbitrary predicates. Rows older than the newest
    {_TTL_KEEP_MONTHS} months expire; rows with a NULL date expire too
    (they land in __HIVE_DEFAULT_PARTITION__, which TTL can't vouch
    for — mirrored by the oracle's NULL-rejecting WHERE).

    The read-back after the drop is the assertion: surviving partitions
    are re-scanned and aggregated, so a mis-dropped directory breaks the
    differential gate, not just a plan expectation. The only driver-side
    data is the 1-row max-date scalar and the partition directory
    listing — both bounded by the month count, never by rows."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate",
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )
    base = os.path.join(gio.tempdir("ttl_drop_"), "orders")
    # Clustered by ym for the same reason as maintenance_partition_compact:
    # parallel file creation, same one-file-per-month layout.
    o.repartition("ym").write.mode("overwrite").partitionBy("ym").parquet(base)

    mx = o.agg(F.max("o_orderdate").alias("m")).collect()[0]["m"]
    if mx is None:  # empty corpus: nothing to expire, nothing survives
        return spark.createDataFrame(
            [], "ym string, n_orders long, total_price double"
        )
    # Cutoff month, computed on the month grid (day clamping can't move
    # the month, so this matches the oracle's INTERVAL arithmetic).
    midx = mx.year * 12 + (mx.month - 1) - (_TTL_KEEP_MONTHS - 1)
    cutoff = f"{midx // 12:04d}-{midx % 12 + 1:02d}"
    import shutil

    for entry in os.listdir(base):
        if not entry.startswith("ym="):
            continue
        part = entry[3:]
        if part == "__HIVE_DEFAULT_PARTITION__" or part < cutoff:
            shutil.rmtree(os.path.join(base, entry))

    return _order_totals(spark.read.parquet(base), "ym")


_TIME_TRAVEL_ORACLE = """
    SELECT 'v1' AS version,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS total_price
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 'v2',
           CAST(count(*) AS BIGINT),
           ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100, 2)
    FROM orders WHERE o_orderkey IS NOT NULL
"""
# ADVICE r9: v2 is built Spark-side as the union of the %3<>0 and %3=0
# slices, both of which drop NULL keys — the oracle's v2 branch must
# exclude NULL o_orderkey too so both engines agree by construction.


@register("sink_time_travel", oracle=_TIME_TRAVEL_ORACLE, tags=("sink", "etl"))
def sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-committed snapshot isolation on plain parquet — the
    Delta/Iceberg time-travel core, reduced to its essential protocol:
    every snapshot is a MANIFEST (an immutable file list published by one
    atomic rename), data files are append-only, and a reader resolves a
    manifest — NEVER a directory listing — so a concurrent append can't
    tear its view and a crashed append (files written, manifest missing)
    is invisible rather than half-read. This is the transactional answer
    that also backs the MinHash/ANN/ER index stores: one io.py manifest
    protocol for every persisted multi-relation store.

    The op commits snapshot v1 (orders with o_orderkey % 3 <> 0), then
    APPENDS the remaining rows and commits v2 = v1's files + the new
    files. Both versions are then read back THROUGH their manifests —
    after v2's commit — and aggregated: matching v1's oracle proves the
    old snapshot still reads exactly as committed (time travel), matching
    v2's proves the append published atomically.

    Scale shape: manifests are O(files) metadata; snapshot reads are
    plain parquet scans over the listed files, so every Catalyst
    optimization (pushdown, pruning) applies unchanged.  Both commits go
    through ``io.manifest_append`` and both reads through
    ``io.read_relation`` — the SAME code path the index stores publish
    and read through, not a parallel implementation."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = gio.tempdir("time_travel_")
    versions = {
        "v1": _append(root, o.filter(F.col("o_orderkey") % 3 != 0)),
        # append = old files + new files, never a rewrite
        "v2": _append(root, o.filter(F.col("o_orderkey") % 3 == 0)),
    }
    v1, v2 = (
        _order_totals(_snapshot(spark, root, version, o.schema)).select(
            F.lit(v).alias("version"), "n_orders", "total_price"
        )
        for v, version in versions.items()
    )
    return v1.unionAll(v2)


_VACUUM_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS total_price,
           TRUE AS vacuum_safe,
           CAST(0 AS BIGINT) AS orphans_remaining
    FROM orders
"""


@register("maintenance_snapshot_vacuum", oracle=_VACUUM_ORACLE, tags=("etl", "maintenance"))
def maintenance_snapshot_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GC half of the manifest protocol (Delta ``VACUUM`` /
    Iceberg ``expireSnapshots``) — without it, sink_time_travel's
    append-only layout grows forever. Full lifecycle under one gate:

      commit v1 → append-commit v2 → COMPACT into v3 (new files, same
      rows; a replace commit, so the manifest swap is the atomic
      publish and readers of v2 are unaffected) → EXPIRE v1/v2 → VACUUM
      (delete every data file no live manifest references) → read v3
      through its manifest.

    The output row carries the post-vacuum read's aggregates (they must
    match the raw table — proving vacuum deleted only unreferenced
    files), ``vacuum_safe`` = pre-vacuum read == post-vacuum read
    computed IN-BAND, and ``orphans_remaining`` = files on disk no live
    manifest references after the sweep (must be 0). File COUNTS are
    never emitted — they depend on write parallelism, not semantics.

    Scale: vacuum is set-difference over file LISTS (metadata,
    O(files)); compaction is the only data pass, and at 100 TB it runs
    partition-scoped (maintenance_partition_compact)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = gio.tempdir("snapshot_vacuum_")
    v1 = _append(root, o.filter(F.col("o_orderkey") % 3 != 0))
    v2 = _append(root, o.filter(F.col("o_orderkey") % 3 == 0))
    # Compaction: rewrite v2's rows into fresh files, publish v3.
    v3 = _append(root, _snapshot(spark, root, v2, o.schema).coalesce(1), replace=True)

    def _totals():  # bounded: one aggregate row
        return _order_totals(_snapshot(spark, root, v3, o.schema)).collect()[0]

    pre = _totals()

    # Expire v1/v2 (library GC front half), then vacuum: delete every
    # data file no live manifest references (sweep over
    # manifest_live_files, the back half).
    expired = gio.manifest_expire(root, keep=[v3])
    assert sorted(expired) == sorted([v1, v2])
    live = gio.manifest_live_files(root)
    for orphan in sorted(set(gio.relation_data_files(root, "data")) - live):
        os.remove(os.path.join(root, orphan))

    post = _totals()
    orphans_remaining = len(set(gio.relation_data_files(root, "data")) - live)
    row = [(post["n_orders"], post["total_price"], pre == post, orphans_remaining)]
    return spark.createDataFrame(
        row, "n_orders long, total_price double, vacuum_safe boolean, orphans_remaining long"
    )


_PART_COMPACT_ORACLE = """
    SELECT strftime(o_orderdate, '%Y-%m') AS ym,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS total_price
    FROM orders
    GROUP BY 1
"""


@register("maintenance_partition_compact", oracle=_PART_COMPACT_ORACLE, tags=("etl", "maintenance"))
def maintenance_partition_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-SCOPED compaction — Iceberg's
    ``rewrite_data_files(where=...)`` shape, and the production answer
    maintenance_snapshot_vacuum only points to: at 100 TB you never
    re-cluster the whole table, only its COLD partitions, and the new
    snapshot mixes them with the hot ones.

    The table is one relation partitioned by month (``data/ym=<month>/``,
    the layout of the index stores' ``pb=`` and ``bucket=`` relations),
    read with ``read_relation(..., partitioned=True)``: each row's month
    comes from its committed file's path, never from a directory
    listing. v1 is the loaded table, one file per month. The compaction
    re-clusters the months older than the newest _HOT_MONTHS (one
    shuffle over the cold subset only) and carries the hot months' rows
    through unshuffled, and ONE replace commit publishes both as v2, so
    no reader ever sees a table holding only the cold months. The hot
    rows are copied, not kept as v1's files: ``io.manifest_append``
    replaces whole relations, and a commit that keeps some of a
    relation's files while replacing others is outside that protocol.
    Matching the raw-table oracle proves the mixed snapshot lost and
    duplicated nothing across the rewrite. NULL-dated rows ride the
    default partition and compact like any cold month."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )
    root = gio.tempdir("part_compact_")
    # repartition on the partition key: the orders scan is one input
    # split, so the map-side partitionBy write had a single task creating
    # all ~80 month files serially; clustering by ym spreads the file
    # creation across tasks with the identical one-file-per-month layout.
    v1 = _append(root, o.repartition("ym"), by="ym")
    # The months are the committed files' ``data/ym=<month>`` directories.
    files = gio.manifest_read(root, v1)["relations"]["data"]
    months = {f.split(os.sep)[1][len("ym="):] for f in files}
    months.discard("__HIVE_DEFAULT_PARTITION__")
    hot = F.coalesce(F.col("ym").isin(sorted(months)[-_HOT_MONTHS:]), F.lit(False))
    snap = _snapshot(spark, root, v1, o.schema, partitioned=True)
    v2 = _append(
        root,
        snap.filter(~hot).repartition("ym").unionByName(snap.filter(hot)),
        replace=True,
        by="ym",
    )
    return _order_totals(_snapshot(spark, root, v2, o.schema, partitioned=True), "ym")


_CLONE_ORACLE = """
    SELECT 'source' AS table_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS total_price
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 'clone',
           CAST(count(*) AS BIGINT),
           ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100, 2)
    FROM orders WHERE o_orderkey IS NOT NULL
"""
# ADVICE r9: same NULL-key exclusion as _TIME_TRAVEL_ORACLE's v2 branch —
# the clone's evolved manifest unions the two %3 slices, which drop NULLs.


@register("sink_shallow_clone", oracle=_CLONE_ORACLE, tags=("sink", "etl"))
def sink_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ``SHALLOW CLONE`` reduced to the manifest protocol: a clone
    is a NEW TABLE whose first manifest lists the SOURCE's data files —
    zero bytes copied, O(files) metadata — and from that instant the two
    tables evolve independently: the clone appends its own files and
    commits clone-v2 = shared + own; the source's manifest never
    changes. This is how a 100 TB table gets a dev/test/experiment copy
    in milliseconds; the vacuum contract (maintenance_snapshot_vacuum)
    extends per-table — a shared file is live while ANY table's live
    manifest references it, which is why production clones track
    reference counts before physical deletes.

    The gate reads BOTH tables AFTER the clone diverged: the source must
    still aggregate to exactly its own slice (writer isolation across
    tables sharing files), the clone to source + its append.

    Each table is its own io.py manifest store.  The clone's first
    snapshot names the source's files by ABSOLUTE path (the object-store
    URI shape — manifest paths resolve relative to the store root only
    when relative), which is exactly how a production clone references
    another table's files without copying them; its own append lands
    under its own root, root-relative."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = gio.tempdir("shallow_clone_")
    src, cln = os.path.join(base, "source"), os.path.join(base, "clone")
    src_v1 = _append(src, o.filter(F.col("o_orderkey") % 3 != 0))
    # the clone: the source's files, a new table (zero bytes copied)
    gio.manifest_commit(cln, {"data": gio.manifest_relation_files(src, "data", src_v1)})
    cln_v2 = _append(cln, o.filter(F.col("o_orderkey") % 3 == 0))
    # Source read AFTER the clone diverged; clone at its evolved v2.
    source, clone = (
        _order_totals(_snapshot(spark, root, v, o.schema)).select(
            F.lit(label).alias("table_name"), "n_orders", "total_price"
        )
        for label, root, v in (("source", src, src_v1), ("clone", cln, cln_v2))
    )
    return source.unionAll(clone)


_CSV_PERMISSIVE_ORACLE = """
    SELECT CAST(count(CASE WHEN n_nationkey % 7 <> 3 THEN 1 END) AS BIGINT)
               AS n_good,
           CAST(count(CASE WHEN n_nationkey % 7 = 3 THEN 1 END) AS BIGINT)
               AS n_bad,
           CAST(coalesce(sum(CASE WHEN n_nationkey % 7 <> 3
                                  THEN n_nationkey END), 0) AS BIGINT)
               AS sum_good_keys
    FROM nation
"""


@register("scan_csv_permissive", oracle=_CSV_PERMISSIVE_ORACLE, tags=("source", "etl"))
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row recovery — the ETL edge a 100 TB CSV ingest hits on
    day one: a feed where some rows are garbage must load the good rows
    and QUARANTINE the bad ones, never abort the job (the
    one-bad-row-kills-the-pass failure fn_try_arith guards for
    arithmetic, here guarded at the parse boundary). The op stages a CSV
    from the nation dimension with every (n_nationkey % 7 == 3) row
    deterministically corrupted (a non-numeric key), reads it back with
    an enforced schema in PERMISSIVE mode + columnNameOfCorruptRecord,
    and reports the good/bad split and a checksum over the good keys —
    the oracle derives the same split from the clean table, so a parser
    that silently dropped or mis-recovered a row breaks the hash.

    The staging write is driver-side over the NATION dim (25 rows,
    bounded-by-contract like fn_dict_lookup's dictionary); the read-back
    is a normal distributed CSV scan — at 100 TB only the read side
    exists and badRecordsPath replaces the in-band corrupt column."""
    from pyspark.sql import types as T

    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    rows = sorted(n.collect(), key=lambda r: (r[0] is None, r[0]))
    assert len(rows) < 100_000, "dimension staging must stay bounded"
    base = gio.tempdir("csv_permissive_")
    path = os.path.join(base, "nation.csv")
    def _field(v) -> str:
        # NULL stages as the literal empty field so the CSV round-trips
        # NULLs (an empty field parses back as NULL under an enforced
        # schema); the ADVICE-r9 bug was f-string "None" here, which made
        # a NULL key fail the Long parse and count as corrupt while the
        # oracle counted it in neither bucket.
        return "" if v is None else str(v)

    with open(path, "w") as fh:
        for r in rows:
            key = r["n_nationkey"]
            if key is not None and key % 7 == 3:
                fh.write(f"corrupt#{key},{_field(r['n_name'])},{_field(r['n_regionkey'])}\n")
            else:
                fh.write(f"{_field(key)},{_field(r['n_name'])},{_field(r['n_regionkey'])}\n")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    got = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    # A NULL key parses cleanly (empty field) but belongs to NEITHER
    # bucket — the oracle's CASE WHEN n_nationkey % 7 <> 3 is NULL for a
    # NULL key, so n_good counts parsed rows with a non-NULL key only.
    return got.agg(
        F.count(F.when(~bad & F.col("n_nationkey").isNotNull(), 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_bad"),
        F.coalesce(
            F.sum(F.when(~bad, F.col("n_nationkey"))), F.lit(0)
        ).cast("long").alias("sum_good_keys"),
    )
