"""ETL / migration tests (SURVEY.md §5 items 3-4): cast-battery edge cases
through a real SQLite roundtrip (FIXTURES.md B1 typemap_edge), golden-log
schema replay (FIXTURES.md B2 ha_mini, /root/reference/README.md:54-82),
partitioned extraction, ReplacingMergeTree dedup semantics, and the
migrate orchestrator end-to-end."""

from __future__ import annotations

import datetime as dt
import sqlite3

import pytest
from pyspark.sql import types as T

from sqlite_to_clickhouse_spark import migrate
from sqlite_to_clickhouse_spark.migrate import migrate_sqlite, replacing_dedup
from sqlite_to_clickhouse_spark.sources import sqlite as src
from sqlite_to_clickhouse_spark.sources.sinks import clickhouse_ddl, engine_clause
from sqlite_to_clickhouse_spark.sources.sqlite import (
    read_sqlite,
    rowid_alias,
    sqlite_catalog,
    sqlite_schema,
)


@pytest.fixture(scope="module")
def edge_db(tmp_path_factory):
    """FIXTURES.md B1: one row per coercion branch of the reference's
    prepare_row/parse_datetime/parse_date (main.py:81-104, 18-37)."""
    path = str(tmp_path_factory.mktemp("edge") / "edge.db")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE typemap_edge ("
        "rid INTEGER PRIMARY KEY, c_int INTEGER, c_real REAL, c_text TEXT, "
        "c_dt DATETIME, c_date DATE, c_unknown BLOB)"
    )
    rows = [
        (1, 0, 1.5, "abc", "2024-07-25 15:04:42", "2024-07-25", "plain"),
        (2, -1, -0.0, "", "2024-07-25 15:04:42.993", "2024-13-99", ""),
        (3, 2**40, None, None, "not-a-date", "", None),
        (4, None, 2.25, "xyz", "", None, "tail"),
    ]
    con.executemany("INSERT INTO typemap_edge VALUES (?,?,?,?,?,?,?)", rows)
    con.commit()
    con.close()
    return path


@pytest.fixture(scope="module")
def ha_db(tmp_path_factory):
    """FIXTURES.md B2: miniature Home Assistant schema matching the
    reference README's golden run log (README.md:56-82)."""
    path = str(tmp_path_factory.mktemp("ha") / "ha.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE event_data (data_id INTEGER, hash TEXT, shared_data TEXT)")
    con.execute("CREATE TABLE states_meta (metadata_id INTEGER, entity_id TEXT)")
    con.execute(
        'CREATE TABLE recorder_runs (run_id INTEGER, start DATETIME, "end" DATETIME, '
        "closed_incorrect BOOLEAN, created DATETIME)"
    )
    con.execute("CREATE TABLE statistics_runs (run_id INTEGER, start DATETIME)")
    con.executemany(
        "INSERT INTO event_data VALUES (?,?,?)",
        [(1, "h1", '{"a":1}'), (2, None, None), (3, "h3", "x")],
    )
    con.executemany(
        "INSERT INTO recorder_runs VALUES (?,?,?,?,?)",
        [
            (1, "2024-07-25 15:04:42.993", "2024-07-25 16:00:00", 0, "2024-07-25 15:04:42"),
            (2, None, None, 1, None),
        ],
    )
    con.executemany("INSERT INTO statistics_runs VALUES (?,?)", [(1, "2024-07-25 15:04:42")])
    con.commit()
    con.close()
    return path


def test_catalog_lists_tables(ha_db):
    assert sqlite_catalog(ha_db) == [
        "event_data",
        "recorder_runs",
        "states_meta",
        "statistics_runs",
    ]


def test_golden_log_schema_replay(ha_db):
    """Inferred schemas must match the reference's logged ones
    (README.md:57,66,72,81): INTEGER→Int64, TEXT→String, DATETIME→DateTime,
    BOOLEAN falls through the declared-type map to String (main.py:134)."""
    schema, pk = sqlite_schema(ha_db, "recorder_runs")
    assert schema == {
        "run_id": T.LongType(),
        "start": T.TimestampType(),
        "end": T.TimestampType(),
        "closed_incorrect": T.StringType(),
        "created": T.TimestampType(),
    }
    assert pk == []
    schema, _ = sqlite_schema(ha_db, "event_data")
    assert schema == {
        "data_id": T.LongType(),
        "hash": T.StringType(),
        "shared_data": T.StringType(),
    }


def test_cast_battery_edges_via_sqlite(spark, edge_db):
    """Every live prepare_row branch, through the real extract path."""
    df = read_sqlite(spark, edge_db, "typemap_edge", num_partitions=2)
    rows = {r["rid"]: r for r in df.collect()}

    assert [f.dataType for f in df.schema.fields] == [
        T.LongType(),      # rid (INTEGER pk)
        T.LongType(),      # c_int
        T.DoubleType(),    # c_real
        T.StringType(),    # c_text
        T.TimestampType(), # c_dt
        T.DateType(),      # c_date
        T.StringType(),    # c_unknown (BLOB → unmapped → String)
    ]
    # int(value or 0): NULL → 0 (main.py:87); big ints survive
    assert rows[3]["c_int"] == 2**40 and rows[4]["c_int"] == 0
    # float(value or 0): NULL → 0.0 (main.py:93)
    assert rows[3]["c_real"] == 0.0 and rows[4]["c_real"] == 2.25
    # engine default: real NULLs for strings (the "None" quirk is opt-in)
    assert rows[3]["c_text"] is None and rows[2]["c_text"] == ""
    # fractional seconds stripped (main.py:22)
    assert rows[2]["c_dt"] == dt.datetime(2024, 7, 25, 15, 4, 42)
    # unparseable / empty datetime → NULL (main.py:25-27)
    assert rows[3]["c_dt"] is None and rows[4]["c_dt"] is None
    # unparseable / empty date → NULL (main.py:35-37)
    assert rows[1]["c_date"] == dt.date(2024, 7, 25)
    assert rows[2]["c_date"] is None and rows[3]["c_date"] is None


def test_compat_none_strings_quirk(spark, edge_db):
    """Bug-for-bug mode: string NULL → literal "None" (main.py:95)."""
    df = read_sqlite(spark, edge_db, "typemap_edge", compat_none_strings=True)
    rows = {r["rid"]: r for r in df.collect()}
    assert rows[3]["c_text"] == "None"
    assert rows[1]["c_text"] == "abc"


def test_read_sqlite_partitioned_complete(spark, edge_db):
    """Ranged extraction must be a partition of the table: no range may
    drop or duplicate rows, for any partition count (incl. > nrows)."""
    for n in (1, 3, 16):
        df = read_sqlite(spark, edge_db, "typemap_edge", num_partitions=n)
        assert sorted(r["rid"] for r in df.collect()) == [1, 2, 3, 4]


def test_extract_streams_a_slice_in_chunks(spark, edge_db, monkeypatch):
    """A slice is fetched in chunks of at most _CHUNK_ROWS rows, one frame
    each, and the extract's rows do not depend on the chunk size."""
    whole = sorted(tuple(r) for r in read_sqlite(spark, edge_db, "typemap_edge").collect())
    monkeypatch.setattr(src, "_CHUNK_ROWS", 3)
    df = read_sqlite(spark, edge_db, "typemap_edge", num_partitions=1)
    assert sorted(tuple(r) for r in df.collect()) == whole

    query = "SELECT rowid, c_text FROM typemap_edge WHERE rowid BETWEEN ? AND ?"
    with sqlite3.connect(edge_db) as con:
        frames = list(src._read_slice(con, query, (1, 4), ["rid", "c_text"], src._CHUNK_ROWS))
    assert [len(f) for f in frames] == [3, 1]
    assert [r for f in frames for r in f["rid"]] == [1, 2, 3, 4]


def test_rowid_alias_is_read_from_the_schema(tmp_path):
    """Only an INTEGER PRIMARY KEY of a rowid table is the rowid alias."""
    path = str(tmp_path / "pk.db")
    con = sqlite3.connect(path)
    ddl = {
        "col_form": "k INTEGER PRIMARY KEY, v TEXT",
        "constraint_form": "k INTEGER, v TEXT, PRIMARY KEY (k DESC)",
        "lower_case": "k integer primary key, v TEXT",
        "int_type": "k INT PRIMARY KEY, v TEXT",
        "col_form_desc": "k INTEGER PRIMARY KEY DESC, v TEXT",
        "without_rowid": "k INTEGER PRIMARY KEY, v TEXT) WITHOUT ROWID; --",
        "text_key": "k TEXT PRIMARY KEY, v TEXT",
        "composite": "a INTEGER, b INTEGER, PRIMARY KEY (a, b)",
        "no_key": "k INTEGER, v TEXT",
    }
    for t, cols in ddl.items():
        con.execute(f"CREATE TABLE {t} ({cols})")
    con.close()
    got = {t for t in ddl if rowid_alias(path, t)}
    assert got == {"col_form", "constraint_form", "lower_case"}


def test_migrate_dedup_branches(spark, tmp_path, monkeypatch):
    """One database, both dedup branches and the pk-less path: the
    rowid-alias table skips the window and keeps every row; a DATETIME
    key whose values collide after the cast keeps one row per key, the
    highest rowid; the pk-less table is copied as-is."""
    path = str(tmp_path / "branches.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE alias_t (k INTEGER PRIMARY KEY, v TEXT)")
    con.executemany("INSERT INTO alias_t VALUES (?, ?)", [(i, f"v{i}") for i in range(1, 6)])
    # Re-written rows: the latest write replaces the row in place.
    con.executemany("INSERT OR REPLACE INTO alias_t VALUES (?, ?)", [(2, "new2"), (4, "new4")])
    con.execute("CREATE TABLE dt_t (ts DATETIME PRIMARY KEY, v TEXT)")
    con.executemany(
        "INSERT INTO dt_t VALUES (?, ?)",
        [
            ("2024-01-01 00:00:00.100", "a-old"),
            ("2024-01-01 00:00:00.200", "a-new"),
            ("2024-01-02 00:00:00", "b"),
            ("2024-01-03 00:00:00.5", "c-old"),
            ("2024-01-03 00:00:00.25", "c-new"),
        ],
    )
    con.execute("CREATE TABLE plain_t (k INTEGER, v TEXT)")
    con.executemany("INSERT INTO plain_t VALUES (?, ?)", [(1, "x"), (1, "x"), (2, "y")])
    con.commit()
    con.close()

    windowed = []

    def spy(df, keys, version_col):
        windowed.append(keys)
        return replacing_dedup(df, keys, version_col)

    monkeypatch.setattr(migrate, "replacing_dedup", spy)
    reports = migrate_sqlite(spark, path, str(tmp_path / "out"))
    assert list(reports) == ["alias_t", "dt_t", "plain_t"]
    assert windowed == [["ts"]]
    assert [(r.rows, r.pk, r.deduped) for r in reports.values()] == [
        (5, ["k"], True),
        (3, ["ts"], True),
        (3, [], False),
    ]

    def rows(t):
        return sorted(tuple(r) for r in spark.read.parquet(reports[t].target).collect())

    assert rows("alias_t") == [(1, "v1"), (2, "new2"), (3, "v3"), (4, "new4"), (5, "v5")]
    assert rows("dt_t") == [
        (dt.datetime(2024, 1, 1), "a-new"),
        (dt.datetime(2024, 1, 2), "b"),
        (dt.datetime(2024, 1, 3), "c-new"),
    ]
    assert rows("plain_t") == [(1, "x"), (1, "x"), (2, "y")]


def test_read_sqlite_empty_table(spark, tmp_path):
    """Zero-row tables must come back empty with the inferred schema (the
    reference migrates them too — README log shows 0-row tables)."""
    import sqlite3

    path = str(tmp_path / "empty.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE empty_t (a INTEGER, b TEXT)")
    con.commit()
    con.close()
    df = read_sqlite(spark, path, "empty_t")
    assert df.columns == ["a", "b"]
    assert df.count() == 0


def test_replacing_dedup_last_write_wins(spark):
    df = spark.createDataFrame(
        [(1, "old", 10), (1, "new", 20), (2, "only", 5)],
        "k: long, v: string, ver: long",
    )
    got = {(r["k"], r["v"]) for r in replacing_dedup(df, ["k"], "ver").collect()}
    assert got == {(1, "new"), (2, "only")}


def test_clickhouse_ddl_golden():
    schema = T.StructType(
        [
            T.StructField("run_id", T.LongType()),
            T.StructField("start", T.TimestampType()),
            T.StructField("note", T.StringType()),
        ]
    )
    ddl = clickhouse_ddl("recorder_runs", schema, order_by=["run_id"])
    assert ddl == (
        "CREATE TABLE IF NOT EXISTS `default`.`recorder_runs` (\n"
        "  `run_id` Int64,\n  `start` DateTime,\n  `note` String\n"
        ") ENGINE = ReplacingMergeTree()\nORDER BY (run_id)"
    )
    assert engine_clause() == "ENGINE = ReplacingMergeTree() ORDER BY (tuple())"


def test_migrate_ha_end_to_end(spark, ha_db, tmp_path):
    """R1→R15 on the golden-log schema: every table lands in parquet with
    the inferred schema and full row counts."""
    reports = migrate_sqlite(spark, str(ha_db), str(tmp_path / "out"))
    assert set(reports) == {"event_data", "recorder_runs", "states_meta", "statistics_runs"}
    assert reports["event_data"].rows == 3
    assert reports["recorder_runs"].rows == 2
    rr = spark.read.parquet(reports["recorder_runs"].target)
    assert dict((f.name, f.dataType) for f in rr.schema.fields) == {
        "run_id": T.LongType(),
        "start": T.TimestampType(),
        "end": T.TimestampType(),
        "closed_incorrect": T.StringType(),
        "created": T.TimestampType(),
    }
    row = {r["run_id"]: r for r in rr.collect()}
    assert row[1]["start"] == dt.datetime(2024, 7, 25, 15, 4, 42)  # frac stripped
    assert row[2]["start"] is None


def test_cli_flag_parity_and_migration(spark, sf_dir, tmp_path):
    """The reference's 7 CLI flags (main.py:185-192) parse verbatim, and a
    parquet-mode run migrates with pk dedup, reusing the live session."""
    from sqlite_to_clickhouse_spark.__main__ import build_parser, main

    # Flag parity: the reference's exact invocation parses.
    ns = build_parser().parse_args(
        [
            "--sqlite", "db.sqlite",
            "--clickhouse-host", "h",
            "--clickhouse-port", "9001",
            "--clickhouse-user", "u",
            "--clickhouse-password", "p",
            "--clickhouse-database", "d",
            "--chunk-size", "5000",
        ]
    )
    assert ns.clickhouse_port == 9001 and ns.chunk_size == 5000

    # End-to-end parquet mode against a staged SQLite db.
    from sqlite_to_clickhouse_spark.operators.etl import _stage_sqlite

    db = _stage_sqlite(sf_dir)
    out = str(tmp_path / "out")
    rc = main(["--sqlite", db, "--output-dir", out, "--tables", "nation"])
    assert rc == 0
    got = spark.read.parquet(f"{out}/nation")
    assert got.count() == 25
    # The shared session must survive the CLI run.
    assert spark.sql("SELECT 1").collect()[0][0] == 1


def test_cli_migrates_tables_with_keyword_and_spaced_names(spark, tmp_path):
    """The CLI sizes its partitions from quoted rowid bounds, so tables
    named like a keyword or with a space migrate."""
    from sqlite_to_clickhouse_spark.__main__ import main

    db = str(tmp_path / "names.db")
    con = sqlite3.connect(db)
    con.execute('CREATE TABLE "group" (id INTEGER PRIMARY KEY, name TEXT)')
    con.executemany('INSERT INTO "group" VALUES (?, ?)', [(1, "a"), (2, "b")])
    con.execute('CREATE TABLE "my table" (x INTEGER)')
    con.execute('INSERT INTO "my table" VALUES (7)')
    con.commit()
    con.close()
    out = str(tmp_path / "out")
    assert main(["--sqlite", db, "--output-dir", out]) == 0
    got = sorted(tuple(r) for r in spark.read.parquet(f"{out}/group").collect())
    assert got == [(1, "a"), (2, "b")]
    assert spark.read.parquet(f"{out}/my table").collect()[0]["x"] == 7


def test_cli_requires_a_sink(capsys):
    from sqlite_to_clickhouse_spark.__main__ import main

    assert main(["--sqlite", "x.db"]) == 2


def test_compact_files_collapses_file_count(spark, sf_dir, tmp_path):
    """Compaction must actually reduce the file count (64 micro-batch
    files → a handful) while preserving content row-for-row."""
    import glob as _glob

    from sqlite_to_clickhouse_spark.io import table
    from pyspark.sql import functions as F

    li = table(spark, sf_dir, "lineitem").limit(10_000)
    small = str(tmp_path / "small")
    compacted = str(tmp_path / "compacted")
    li.repartition(64).write.parquet(small)
    (
        spark.read.parquet(small)
        .repartition(2)
        .write.option("maxRecordsPerFile", 500_000)
        .parquet(compacted)
    )
    n_small = len(_glob.glob(f"{small}/part-*.parquet"))
    n_comp = len(_glob.glob(f"{compacted}/part-*.parquet"))
    assert n_small == 64
    assert n_comp <= 4, n_comp
    a = spark.read.parquet(small).agg(
        F.count(F.lit(1)), F.expr("bit_xor(xxhash64(l_orderkey, l_linenumber))")
    ).collect()[0]
    b = spark.read.parquet(compacted).agg(
        F.count(F.lit(1)), F.expr("bit_xor(xxhash64(l_orderkey, l_linenumber))")
    ).collect()[0]
    assert tuple(a) == tuple(b)


def test_ttl_partition_drop_expires_exactly(spark, tmp_path):
    """TTL keeps exactly the newest 12 months on the month grid, expires
    everything older, and expires NULL-dated rows (the
    __HIVE_DEFAULT_PARTITION__ decision documented on the op)."""
    import datetime as dt

    from pyspark.sql import Row

    from sqlite_to_clickhouse_spark.operators.etl import (
        _TTL_KEEP_MONTHS,
        maintenance_ttl_partition_drop,
    )

    rows = []
    # 20 months of data, 2 rows each, spanning a year boundary.
    for i in range(20):
        y, m = 2023 + (i // 12), (i % 12) + 1
        for j in range(2):
            rows.append(
                Row(
                    o_orderkey=i * 10 + j,
                    o_custkey=1,
                    o_orderstatus="O",
                    o_totalprice=100.0,
                    o_orderdate=dt.datetime(y, m, 15),
                    o_orderpriority="1-URGENT",
                )
            )
    # A NULL-dated row: must expire.
    rows.append(
        Row(
            o_orderkey=999,
            o_custkey=1,
            o_orderstatus="O",
            o_totalprice=1.0,
            o_orderdate=None,
            o_orderpriority="1-URGENT",
        )
    )
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.parquet(f"{sf}/orders.parquet")
    out = {r.ym: r.n_orders for r in maintenance_ttl_partition_drop(spark, sf).collect()}
    # Newest month is 2024-08 (i=19); survivors are the last 12 months.
    expected = set()
    for i in range(20 - _TTL_KEEP_MONTHS, 20):
        y, m = 2023 + (i // 12), (i % 12) + 1
        expected.add(f"{y:04d}-{m:02d}")
    assert set(out) == expected
    assert all(v == 2 for v in out.values())


def test_partition_compact_commits_only_whole_tables(spark, sf_dir, monkeypatch):
    """Every snapshot maintenance_partition_compact commits reads back as
    the whole orders table (row count and exact cents total).  Publishing
    the compacted cold months and the hot months in two commits would let
    a reader see the table with only the cold months.  The snapshot is
    read from all the files its manifest lists, whatever the relations."""
    import os

    from pyspark.sql import functions as F

    from sqlite_to_clickhouse_spark import io as gio
    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.etl import maintenance_partition_compact

    roots = []
    make = gio.tempdir

    def tempdir(prefix: str) -> str:
        roots.append(make(prefix))
        return roots[-1]

    monkeypatch.setattr(gio, "tempdir", tempdir)

    def totals(df):
        cents = F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
        return tuple(df.agg(F.count(F.lit(1)), F.sum(cents)).collect()[0])

    want = totals(table(spark, sf_dir, "orders"))
    assert want[0] > 0
    with gio.scope():
        maintenance_partition_compact(spark, sf_dir).collect()
        [root] = roots
        versions = gio.manifest_versions(root)
        assert versions
        for v in versions:
            relations = gio.manifest_read(root, v)["relations"]
            files = [os.path.join(root, f) for fs in relations.values() for f in fs]
            assert totals(spark.read.parquet(*files)) == want, v
