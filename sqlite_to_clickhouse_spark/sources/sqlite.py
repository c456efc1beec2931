"""SQLite source: catalog scan, schema introspection, partitioned extract.

Engine analogs of reference R1 (catalog scan, main.py:144-145), R2 (schema
introspection via PRAGMA table_info, main.py:118-136) and R3/R4 (full scan
in chunks, main.py:106-116, 167).

Scale design: the reference streams one cursor single-threaded; here the
extract is *partitioned by rowid range* so N partitions read concurrently —
the same shape as a JDBC partitionColumn/lowerBound/upperBound read. A
``mapInPandas`` extractor opens the database *inside each task* (so, like
a JDBC read of a SQLite file, it needs the file on every executor) and
reads only its rowid slice. The slices are ``spark.range(0, n, 1, n)``: slice
``i`` is partition ``i`` and looks its rowid bounds up in the extractor's
closure, so extract, cast battery and sink run as one shuffle-free stage
of n tasks. Each task streams its slice with ``fetchmany`` in the
reference's 10 000-row chunks and yields one frame per chunk, so a task
holds one chunk in memory however large its slice is. There is no
driver-side collection. Values cross into Spark as raw strings and the
normative cast battery (typemap.cast_battery, reference R5-R8) coerces
them as one codegen'd projection — the same fetch-then-prepare split as
the reference, minus the per-row Python loop.
"""

from __future__ import annotations

import sqlite3
from typing import Dict, Iterator, List, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlite_to_clickhouse_spark.typemap import cast_battery, decl_type_to_spark

ROWID = "_sqlite_rowid"
# The reference's chunk size (main.py:106-116): rows per fetch of the
# extractor and rowids per extract partition.
_CHUNK_ROWS = 10_000


def sqlite_catalog(db_path: str) -> List[str]:
    """All user tables, reference R1 (SELECT name FROM sqlite_master)."""
    with sqlite3.connect(db_path) as con:
        rows = con.execute(
            "SELECT name FROM sqlite_master WHERE type='table' "
            "AND name NOT LIKE 'sqlite_%' ORDER BY name"
        ).fetchall()
    return [r[0] for r in rows]


def sqlite_schema(db_path: str, table: str) -> Tuple[Dict[str, T.DataType], List[str]]:
    """Declared-type schema + primary-key columns, reference R2.

    Returns ({column -> Spark type via the §1.2 map}, [pk columns]). The
    reference extracts the pk flag then discards it (main.py:124, 164); we
    keep it — it is the natural ReplacingMergeTree ORDER BY / dedup key.
    """
    with sqlite3.connect(db_path) as con:
        info = con.execute(f"PRAGMA table_info({_q(table)})").fetchall()
    if not info:
        raise KeyError(f"no such sqlite table: {table}")
    schema = {row[1]: decl_type_to_spark(row[2]) for row in info}
    pk = [row[1] for row in sorted((r for r in info if r[5]), key=lambda r: r[5])]
    return schema, pk


def rowid_alias(db_path: str, table: str) -> bool:
    """True when the table's primary key is SQLite's rowid alias: an
    ``INTEGER PRIMARY KEY`` (column or table-constraint form) of a rowid
    table, whose values are unique, non-NULL integers. Read from the
    schema: every other primary key (``WITHOUT ROWID``, composite, a
    non-INTEGER type, the column form with DESC) is backed by an index of
    origin ``pk``, the alias by none."""
    with sqlite3.connect(db_path) as con:
        info = con.execute(f"PRAGMA table_info({_q(table)})").fetchall()
        indexes = con.execute(f"PRAGMA index_list({_q(table)})").fetchall()
    return sum(1 for r in info if r[5]) == 1 and all(r[3] != "pk" for r in indexes)


def rowid_bounds(db_path: str, table: str) -> Tuple[int, int]:
    """(MIN(rowid), MAX(rowid)) of the table — one rowid lookup each, no
    scan; (0, -1) when it is empty."""
    with sqlite3.connect(db_path) as con:
        lo, hi = con.execute(f"SELECT MIN(rowid), MAX(rowid) FROM {_q(table)}").fetchone()
    return (0, -1) if lo is None else (lo, hi)


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def read_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    *,
    num_partitions: int = 8,
    with_rowid: bool = False,
    compat_none_strings: bool = False,
) -> DataFrame:
    """Partitioned extract of one SQLite table with the cast battery applied.

    One ranged rowid query per partition, issued by a ``mapInPandas``
    extractor running in the executors; values arrive as strings and the
    §1.2 coercions happen Spark-side.

    ``with_rowid`` exposes SQLite's rowid as ``_sqlite_rowid`` — the
    insertion-order version column the migration path uses for
    last-write-wins dedup (ReplacingMergeTree semantics, main.py:65,178).
    """
    schema, _pk = sqlite_schema(db_path, table)
    cols = list(schema)

    lo, hi = rowid_bounds(db_path, table)

    # Row-aware partition count — the reference's 10 k-row chunk loop
    # (main.py:106-116) expressed as a partition floor: a 25-row dimension
    # table gets ONE ranged query, not num_partitions near-empty ones
    # (each costs a task), while a table with
    # ≥ 10 k·num_partitions rowids keeps the full requested parallelism.
    num_partitions = max(1, min(num_partitions, -(-(hi - lo + 1) // _CHUNK_ROWS)))

    raw = _mapinpandas_extract(spark, db_path, table, cols, lo, hi, num_partitions)

    out = [F.col(ROWID)] if with_rowid else []
    out += [
        expr
        for expr in cast_battery(schema, compat_none_strings=compat_none_strings)
    ]
    return raw.select(*out)


def _mapinpandas_extract(
    spark: SparkSession,
    db_path: str,
    table: str,
    cols: List[str],
    lo: int,
    hi: int,
    num_partitions: int,
) -> DataFrame:
    """Executor-side ranged extract: partition ``i`` of a
    ``spark.range(0, n, 1, n)`` reads rowid slice ``i`` from a connection
    of its own. String-typed output; coercion is the caller's columnar
    cast battery."""
    n = max(1, num_partitions)
    span = max(1, (hi - lo + n) // n)
    bounds = [(lo + i * span, min(hi, lo + (i + 1) * span - 1)) for i in range(n)]
    bounds = [(a, b) for a, b in bounds if a <= b] or [(0, -1)]

    out_schema = T.StructType(
        [T.StructField(ROWID, T.LongType())]
        + [T.StructField(c, T.StringType()) for c in cols]
    )
    select_cols = ", ".join(f"CAST({_q(c)} AS TEXT)" for c in cols)
    query = (
        f"SELECT rowid, {select_cols} FROM {_q(table)} "
        f"WHERE rowid BETWEEN ? AND ?"
    )
    columns = [ROWID] + cols
    chunk = _CHUNK_ROWS  # read here, so the closure carries the value

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        con = sqlite3.connect(db_path)
        try:
            for pdf in batches:
                for i in pdf["id"]:
                    yield from _read_slice(con, query, bounds[i], columns, chunk)
        finally:
            con.close()

    return spark.range(0, len(bounds), 1, len(bounds)).mapInPandas(extract, out_schema)


def _read_slice(
    con: sqlite3.Connection,
    query: str,
    bounds: Tuple[int, int],
    columns: List[str],
    chunk: int,
) -> Iterator[pd.DataFrame]:
    """One rowid slice as frames of at most ``chunk`` rows each."""
    cur = con.execute(query, bounds)
    while rows := cur.fetchmany(chunk):
        yield pd.DataFrame(rows, columns=columns)
