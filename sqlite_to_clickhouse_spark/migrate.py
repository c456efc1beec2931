"""The migration orchestrator — the reference's actual job (R15,
main.py:138-182), recomposed from engine primitives:

    for each table in catalog:                      # R1
        schema, pk = introspect(PRAGMA table_info)  # R2
        df = partitioned read + cast battery        # R3/R4/R5-R8
        df = last-write-wins dedup by pk            # R13 (ReplacingMergeTree
                                                    #  + OPTIMIZE semantics)
        write parquet | write jdbc+MergeTree DDL    # R10/R11

Differences from the reference, by design (SURVEY.md §3.2): extraction is
partition-parallel instead of a single synchronous cursor; coercion is one
codegen'd projection instead of a per-row Python loop; dedup happens
engine-side with an explicit version column instead of delegating to a
post-load OPTIMIZE; ``migrate_sqlite`` migrates the tables concurrently,
since each table's pipeline is independent.

Rowid-alias rule: a primary key that is SQLite's rowid alias
(``sources.sqlite.rowid_alias``: ``INTEGER PRIMARY KEY`` on a rowid table)
holds unique, non-NULL integers and the INTEGER cast is injective, so each
key group has exactly one row and the dedup window is skipped; such a
table is read, cast and written in one shuffle-free stage. Every other
key keeps the window: its values can collide after the cast (DATETIMEs
that differ only in the fractional seconds the cast battery strips).
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from sqlite_to_clickhouse_spark import io as gio
from sqlite_to_clickhouse_spark.sources import sinks
from sqlite_to_clickhouse_spark.sources.sqlite import (
    ROWID,
    read_sqlite,
    rowid_alias,
    sqlite_catalog,
    sqlite_schema,
)


@dataclass
class TableReport:
    table: str
    rows: int
    pk: List[str] = field(default_factory=list)
    deduped: bool = False
    target: str = ""


def replacing_dedup(df: DataFrame, keys: List[str], version_col: str) -> DataFrame:
    """ReplacingMergeTree last-write-wins by key (reference main.py:65,178):
    keep the highest-version row per key. Window rank over a hash shuffle on
    the key — the scalable form of OPTIMIZE's merge-side dedup."""
    w = Window.partitionBy(*keys).orderBy(F.desc(version_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def migrate_sqlite(
    spark: SparkSession,
    db_path: str,
    out_dir: str,
    *,
    tables: Optional[List[str]] = None,
    num_partitions: int = 8,
    dedup: bool = True,
    clickhouse_url: Optional[str] = None,
) -> Dict[str, TableReport]:
    """Migrate every (or the given) SQLite table to parquet — or to
    ClickHouse over JDBC when ``clickhouse_url`` is given.

    Dedup uses the introspected primary key with SQLite rowid as the
    version (insertion order ⇒ last insert wins), exactly the observable
    semantics of ReplacingMergeTree + OPTIMIZE; a rowid-alias key needs no
    window (module docstring). Tables without a pk are loaded as-is —
    matching the reference, whose ORDER BY tuple() makes per-key dedup
    vacuous (main.py:66).

    The tables run concurrently, at most ``defaultParallelism`` at once
    (``io.run_jobs``); the reports keep catalog order. If a table fails,
    no further table starts, the ones in flight finish, and the first
    failure in catalog order is re-raised."""

    def migrate_table(t: str) -> TableReport:
        _schema, pk = sqlite_schema(db_path, t)
        df = read_sqlite(
            spark,
            db_path,
            t,
            num_partitions=num_partitions,
            with_rowid=True,
        )
        deduped = dedup and bool(pk)
        if deduped and not rowid_alias(db_path, t):
            df = replacing_dedup(df, pk, ROWID)
        df = df.drop(ROWID)
        # R12's running row-count via observe(): the metric rides the
        # write job itself — one pass over the data, no post-load count,
        # exactly the reference's inline counter (main.py:171-177)
        # without its second look at the table.
        obs = Observation(f"migrate_{t}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if clickhouse_url:
            sinks.write_clickhouse(df, clickhouse_url, t, order_by=pk or None)
            target = clickhouse_url
        else:
            target = os.path.join(out_dir, t)
            sinks.sink_parquet(df, target)
        rows = obs.get["rows"]
        return TableReport(table=t, rows=rows, pk=pk, deduped=deduped, target=target)

    # A table named twice is migrated once: two concurrent writes to one
    # target would race.
    names = list(dict.fromkeys(tables if tables is not None else sqlite_catalog(db_path)))
    reports = gio.run_jobs(
        *[functools.partial(migrate_table, t) for t in names],
        limit=spark.sparkContext.defaultParallelism,
    )
    return dict(zip(names, reports))
