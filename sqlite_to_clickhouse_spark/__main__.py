"""CLI: the reference's exact command-line surface, Spark-powered.

The reference is invoked as

    python main.py --sqlite db.sqlite --clickhouse-host H \
        --clickhouse-user U --clickhouse-password P --clickhouse-database D \
        [--clickhouse-port 9000] [--chunk-size 10000]

(/root/reference/main.py:184-204 — 7 flags). This module accepts the same
flags spelled the same way, so a reference user can switch by replacing
``python main.py`` with ``python -m sqlite_to_clickhouse_spark``:

- ``--clickhouse-*`` flags build a ClickHouse JDBC URL and write through
  ``sinks.write_clickhouse`` (MergeTree DDL via createTableOptions) when a
  JDBC driver is on the Spark classpath; without a live ClickHouse you can
  instead (or additionally) pass ``--output-dir`` for a parquet warehouse.
- ``--chunk-size`` maps to the JDBC ``batchsize``/``fetchsize`` analog:
  Spark replaces the reference's hand-rolled cursor chunking (R4,
  main.py:106-116) with partition-parallel ranged reads, so the flag is
  honored as the per-partition row target used to derive the partition
  count rather than a synchronous loop's batch length.

Spark-era extensions (all optional): ``--tables`` to migrate a subset,
``--num-partitions`` to pin extract parallelism, ``--no-dedup`` to skip
the ReplacingMergeTree-style pk dedup, ``--master`` for the Spark master.
"""

from __future__ import annotations

import argparse
import sys

from sqlite_to_clickhouse_spark.migrate import migrate_sqlite
from sqlite_to_clickhouse_spark.session import get_spark
from sqlite_to_clickhouse_spark.sources.sqlite import rowid_bounds, sqlite_catalog


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="sqlite_to_clickhouse_spark",
        description="Transfer data from SQLite to ClickHouse (or parquet) on Spark.",
    )
    # --- the reference's flags, verbatim (main.py:185-192) ---
    p.add_argument("--sqlite", required=True, help="Path to the SQLite database.")
    p.add_argument("--clickhouse-host", help="ClickHouse host.")
    p.add_argument("--clickhouse-port", type=int, default=9000, help="ClickHouse port.")
    p.add_argument("--clickhouse-user", help="ClickHouse user.")
    p.add_argument("--clickhouse-password", help="ClickHouse password.")
    p.add_argument("--clickhouse-database", help="ClickHouse database name.")
    p.add_argument(
        "--chunk-size",
        type=int,
        default=10000,
        help="Target rows per extract partition (the reference's INSERT "
        "chunk length; here it sizes partition-parallel ranged reads).",
    )
    # --- Spark-era extensions ---
    p.add_argument("--output-dir", help="Write parquet here instead of ClickHouse.")
    p.add_argument("--tables", nargs="*", help="Subset of tables to migrate.")
    p.add_argument(
        "--num-partitions",
        type=int,
        default=0,
        help="Extract parallelism (0 = derive from --chunk-size).",
    )
    p.add_argument("--no-dedup", action="store_true", help="Skip pk dedup.")
    p.add_argument("--master", default="local[*]", help="Spark master URL.")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    if not args.output_dir and not args.clickhouse_host:
        print(
            "error: need --output-dir (parquet) or --clickhouse-host (JDBC)",
            file=sys.stderr,
        )
        return 2

    clickhouse_url = None
    if args.clickhouse_host:
        # JDBC analog of the reference's native-protocol endpoint
        # (main.py:147-156). Credentials ride the URL; the HTTP-protocol
        # JDBC port default is 8123 — the reference's 9000 default is the
        # native protocol, kept here verbatim for flag parity.
        db = args.clickhouse_database or "default"
        auth = ""
        if args.clickhouse_user:
            auth = f"?user={args.clickhouse_user}"
            if args.clickhouse_password:
                auth += f"&password={args.clickhouse_password}"
        clickhouse_url = (
            f"jdbc:clickhouse://{args.clickhouse_host}:{args.clickhouse_port}"
            f"/{db}{auth}"
        )

    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("sqlite_to_clickhouse_spark-cli", master=args.master)
    try:
        tables = args.tables or sqlite_catalog(args.sqlite)
        if args.num_partitions:
            num_partitions = args.num_partitions
        else:
            # chunk-size → partition count: ceil(max rowid span/chunk),
            # capped so tiny tables stay single-partition and huge ones
            # bounded. The span costs one rowid lookup per table, no scan.
            bounds = (rowid_bounds(args.sqlite, t) for t in tables)
            max_rows = max((hi - lo + 1 for lo, hi in bounds), default=0)
            num_partitions = max(1, min(64, -(-max_rows // args.chunk_size)))
        reports = migrate_sqlite(
            spark,
            args.sqlite,
            args.output_dir or "",
            tables=tables,
            num_partitions=num_partitions,
            dedup=not args.no_dedup,
            clickhouse_url=clickhouse_url,
        )
        total = 0
        for t, r in reports.items():
            total += r.rows
            pk = ",".join(r.pk) if r.pk else "-"
            dd = "deduped" if r.deduped else "as-is"
            print(f"{t}: {r.rows} rows (pk={pk}, {dd}) -> {r.target}")
        print(f"total: {total} rows across {len(reports)} tables")
        return 0
    finally:
        # Own the session only if we created it (embedders/tests pass a
        # live one via getOrCreate — stopping theirs would be rude).
        if not preexisting:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
